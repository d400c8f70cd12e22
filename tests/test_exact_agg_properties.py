"""Property-based tests (hypothesis): the deterministic-aggregation claim.

dsum's contract is that its result is EXACT for fixed-point inputs and
independent of partitioning/order — the property the whole oracle-hashing
strategy rests on.  We check it against Python's decimal arithmetic across
random inputs and random repartitionings.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delta_lake_validation_spark.functions.aggregates import dsum

money = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(money, min_size=1, max_size=60), parts=st.integers(1, 7))
def test_dsum_exact_and_partition_independent(spark, values, parts):
    exact = sum(values)  # Decimal arithmetic: the ground truth
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    got = df.repartition(parts).agg(dsum(F.col("x"), 2).alias("s")).collect()[0].s
    assert Decimal(str(round(got, 2))) == exact


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(money, min_size=1, max_size=40))
def test_dsum_order_independent(spark, values):
    a = spark.createDataFrame([(float(v),) for v in values], "x double")
    b = spark.createDataFrame([(float(v),) for v in reversed(values)], "x double")
    ra = a.agg(dsum(F.col("x"), 2).alias("s")).collect()[0].s
    rb = b.agg(dsum(F.col("x"), 2).alias("s")).collect()[0].s
    assert ra == rb  # bit-identical, not merely close


# ---------------------------------------------------------------------------
# asof_join vs a straight-line Python reference implementation
# ---------------------------------------------------------------------------
_kt = st.tuples(st.integers(0, 2), st.integers(0, 50))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lefts=st.lists(_kt, min_size=1, max_size=25),
    rights=st.lists(_kt, min_size=0, max_size=25, unique=True),
    strict=st.booleans(),
)
def test_asof_join_matches_reference(spark, lefts, rights, strict):
    from delta_lake_validation_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid INT, k INT, t INT"
    )
    right = spark.createDataFrame(
        [(k, t, k * 1000 + t) for (k, t) in rights], "k INT, t INT, pay INT"
    )
    got = {
        r.lid: r.pay
        for r in asof_join(left, right, ["k"], "t", ["pay"], strict=strict).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cands = [
            (rt, k * 1000 + rt)
            for (rk, rt) in rights
            if rk == k and (rt < t if strict else rt <= t)
        ]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, got[i], expect)


# ---------------------------------------------------------------------------
# r9: _distributed_percentiles must be BIT-identical to Spark's exact
# percentile() aggregate (which it replaces in price_percentiles to remove
# the 3-task per-group value buffer).  Adversarial shape: few keys, heavy
# value ties, group sizes hitting integral and fractional q*(n-1)
# positions, plus a key whose values are all NULL (must yield NULL, not
# disappear).
# ---------------------------------------------------------------------------
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=st.lists(
        st.lists(
            st.one_of(
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
                st.sampled_from([0.0, 1.0, 1.0, 2.5]),  # force ties
            ),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=4,
    ),
    parts=st.integers(1, 5),
)
# Each row pins one part of Percentile.getPercentile's rule on every run:
# the weighted (hi − pos)·v[lo] + (pos − lo)·v[hi] form, the integral-position
# short-circuit (a lone -0.0 keeps its sign), the equal-values short-circuit,
# and -0.0 ranked before +0.0.
@example(groups=[[28810.0, 1.0]], parts=1)
@example(groups=[[-0.0]], parts=1)
@example(groups=[[123.456, 123.456]], parts=1)
@example(groups=[[0.0, -0.0]], parts=1)
def test_distributed_percentile_bitwise(spark, groups, parts):
    import struct

    from delta_lake_validation_spark.plans.relational2 import (
        _PCT_QS,
        _distributed_percentiles,
    )

    rows = [
        (f"k{g}", v, g * 100000 + i, 0)
        for g, vals in enumerate(groups)
        for i, v in enumerate(vals)
    ] + [("knull", None, 999999, 0)]
    df = spark.createDataFrame(
        rows, "k string, v double, tb1 long, tb2 int"
    ).repartition(parts)
    expected = {
        r["k"]: (r["m"], r["p"])
        for r in df.groupBy("k")
        .agg(
            F.percentile("v", F.lit(0.5)).alias("m"),
            F.percentile("v", F.lit(0.9)).alias("p"),
        )
        .collect()
    }
    counts = df.groupBy("k").agg(F.count("v").alias("__n"))
    got = {
        r["k"]: (r["median_price"], r["p90_price"])
        for r in _distributed_percentiles(
            df.filter(F.col("v").isNotNull()),
            counts,
            key="k",
            value_col="v",
            tiebreak=["tb1", "tb2"],
            qs=_PCT_QS,
        ).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        for e, g in zip(expected[k], got[k]):
            if e is None or g is None:
                assert e is None and g is None, (k, e, g)
            else:
                assert struct.pack("d", e) == struct.pack("d", g), (k, e, g)
