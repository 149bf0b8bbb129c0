"""Scale-safe exact percentile operator (operators/percentile.py).

The operator must be value-identical to Spark's exact ``percentile()``
aggregate (and therefore DuckDB's ``quantile_cont``) — same type-7 linear
interpolation — while never materializing a per-group value→count map in
an aggregation buffer.
"""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F

from connected_data_lake_spark.operators.percentile import exact_percentiles

FRACTIONS = [0.0, 0.25, 0.5, 0.9, 0.95, 1.0]


def _reference(spark, df, fracs):
    aggs = [
        F.expr(f"percentile(v, {p})").alias(f"p{i}") for i, p in enumerate(fracs)
    ]
    return {
        r["g"]: [r[f"p{i}"] for i in range(len(fracs))]
        for r in df.groupBy("g").agg(*aggs).collect()
    }


def test_matches_builtin_percentile_on_random_data(spark):
    rng = random.Random(7)
    rows = []
    for i in range(4000):
        g = rng.choice(["a", "b", "c"])
        # heavy duplication in group a, near-all-distinct in c, mixed in b
        if g == "a":
            v = float(rng.randrange(0, 10))
        elif g == "b":
            v = round(rng.uniform(0, 100), 1)
        else:
            v = rng.uniform(-1e6, 1e6)
        rows.append((g, v))
    # nulls are ignored, all-null group produces no row
    rows += [("a", None)] * 50 + [("d", None)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: [r[f"p{i}"] for i in range(len(FRACTIONS))]
        for r in exact_percentiles(
            df, ["g"], "v", FRACTIONS, [f"p{i}" for i in range(len(FRACTIONS))]
        ).collect()
    }
    want = _reference(spark, df, FRACTIONS)
    assert set(got) == set(want) == {"a", "b", "c", "d"}
    assert got["d"] == want["d"] == [None] * len(FRACTIONS)  # all-NULL group
    for g in ("a", "b", "c"):
        for a, b in zip(got[g], want[g]):
            assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9), (g, a, b)


def test_single_value_group_and_exact_boundaries(spark):
    df = spark.createDataFrame(
        [("x", 5.0), ("y", 1.0), ("y", 2.0), ("y", 3.0), ("y", 4.0)],
        "g string, v double",
    )
    out = {
        r["g"]: (r["lo"], r["med"], r["hi"])
        for r in exact_percentiles(
            df, ["g"], "v", [0.0, 0.5, 1.0], ["lo", "med", "hi"]
        ).collect()
    }
    assert out["x"] == (5.0, 5.0, 5.0)
    # 4 values: h(0.5) = 1.5 -> interpolate between 2 and 3
    assert out["y"] == (1.0, 2.5, 4.0)


def test_plan_has_no_object_hash_aggregate(spark):
    """The entire point: no ObjectHashAggregate (percentile's per-group
    value-map buffer) anywhere in the physical plan — only spillable
    HashAggregate / Sort / Window operators."""
    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), F.rand(1).alias("v")
    )
    out = exact_percentiles(df, ["g"], "v", [0.5], ["med"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" not in plan
    assert "HashAggregate" in plan and "Window" in plan


def test_fraction_name_mismatch_rejected(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError):
        exact_percentiles(df, ["g"], "v", [0.5, 0.9], ["only_one"])


def test_range_strategy_matches_window_strategy(spark):
    """Both strategies are value-identical on mixed distributions
    (duplicates, near-all-distinct, NULLs, an all-NULL group, groups
    spanning several range partitions)."""
    rng = random.Random(11)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.choice([float(rng.randrange(5)), rng.uniform(0, 1e6)]))
        for _ in range(3000)
    ]
    rows += [("a", None)] * 20 + [("d", None)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    outs = [f"p{i}" for i in range(len(FRACTIONS))]
    win = {
        r["g"]: [r[o] for o in outs]
        for r in exact_percentiles(df, ["g"], "v", FRACTIONS, outs).collect()
    }
    rng_out = exact_percentiles(
        df, ["g"], "v", FRACTIONS, outs, strategy="range"
    )
    rngd = {r["g"]: [r[o] for o in outs] for r in rng_out.collect()}
    from connected_data_lake_spark.sources.tables import release_index

    release_index(rng_out)
    assert set(win) == set(rngd) == {"a", "b", "c", "d"}
    for gk in win:
        for a, b in zip(win[gk], rngd[gk]):
            if a is None or b is None:
                assert a is None and b is None, (gk, a, b)
            else:
                assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9), (gk, a, b)


def test_bucket_strategy_matches_window_strategy(spark):
    """The histogram-narrowing strategy is value-identical to the window
    strategy on mixed distributions: negatives (mirrored bucket ids),
    heavy duplicates (whole groups inside one bucket), near-all-distinct
    values, NULLs, an all-NULL group, and boundary fractions 0.0/1.0
    (rank at the first/last value, where the successor-bucket selection
    and the group-level lead must line up)."""
    rng = random.Random(13)
    rows = [
        (
            rng.choice(["a", "b", "c"]),
            rng.choice(
                [float(rng.randrange(5)), rng.uniform(-1e6, 1e6), 0.0]
            ),
        )
        for _ in range(3000)
    ]
    rows += [("a", None)] * 20 + [("d", None)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    outs = [f"p{i}" for i in range(len(FRACTIONS))]
    win = {
        r["g"]: [r[o] for o in outs]
        for r in exact_percentiles(df, ["g"], "v", FRACTIONS, outs).collect()
    }
    bkt = {
        r["g"]: [r[o] for o in outs]
        for r in exact_percentiles(
            df, ["g"], "v", FRACTIONS, outs, strategy="bucket"
        ).collect()
    }
    assert set(win) == set(bkt) == {"a", "b", "c", "d"}
    for gk in win:
        for a, b in zip(win[gk], bkt[gk]):
            if a is None or b is None:
                assert a is None and b is None, (gk, a, b)
            else:
                assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9), (gk, a, b)


def test_bucket_strategy_all_null_group_fraction_zero(spark):
    """Degenerate corner: an all-NULL group queried ONLY at fraction 0.0
    has no in-span bucket at all (lo = 0 against a zero-width span) —
    the group row must still appear with a NULL result."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("d", None), ("d", None)],
        "g string, v double",
    )
    out = {
        r["g"]: r["p0"]
        for r in exact_percentiles(
            df, ["g"], "v", [0.0], ["p0"], strategy="bucket"
        ).collect()
    }
    assert out == {"a": 1.0, "d": None}


def test_unknown_strategy_rejected(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError):
        exact_percentiles(df, ["g"], "v", [0.5], ["m"], strategy="sorted")
