"""Law test for the unscaled-long sums in ``operators/aggregate.py``:
``dsum``/``davg`` on a column name and ``dsum_revenue`` must give, bit for
bit as doubles, what the decimal-cast expressions they replace give, or
fail with the same error class / return the same nulls."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_table_spark.operators.aggregate import davg, dsum, dsum_revenue, revenue

B = 2.0**40 / 1e6  # |x| at the edge of the fast domain (scale 6)


def _near_ties():
    """x whose y = x·10^6 is just inside and just outside 2^-10 of .5."""
    return [
        sign * (k + 0.5 + side * d * 2.0**-10) / 1e6
        for k in (0, 7, 123, 98765, 1234567, 987654321)
        for d in (0.9, 0.999, 1.001, 1.1, 1.5)
        for side in (1, -1)
        for sign in (1, -1)
    ]


TIES = [5e-7, -5e-7, 1.2345675, -1.2345675, 2.5e-6, -2.5e-6, 0.0001245, -0.0001245, 1.0000005]
EDGES = [
    B, -B, math.nextafter(B, 0), math.nextafter(B, math.inf), B * (1 - 1e-9), B * (1 + 1e-9),
    -B * (1 - 1e-9), -B * (1 + 1e-9), 999999999999.999, -999999999999.999,
]
SPECIAL = [None, -0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-7, 4.9e-7]
FAST = [0.0, 1.5, 0.05, 12345.67, -3.25, 901.1, 0.1, 0.07]
# no decimal(18,6) holds these: the cast fails under ANSI for the finite
# ones and gives null otherwise (NaN and ±Inf give null either way)
BAD = {"finite": [1e12, -1e12, 5e15], "nonfinite": [float("nan"), float("inf"), float("-inf")]}

SCHEMA = T.StructType(
    [
        T.StructField("g", T.IntegerType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
    ]
)


def _bits(v):
    return None if v is None else struct.pack(">d", v)


def _aggs(old: bool):
    """The kernel (new) or the expressions it replaces (old), per group."""
    def cast_sum(c):
        return F.sum(F.col(c).cast("decimal(18,6)")).cast("double")

    if old:
        return [
            cast_sum("l_extendedprice").alias("s_p"),
            cast_sum("l_discount").alias("s_d"),
            (cast_sum("l_discount") / F.count("l_discount")).alias("a_d"),
            F.sum(revenue()).cast("decimal(38,6)").cast("double").alias("rev"),
            F.sum(F.when(F.col("l_discount") < 0.5, revenue()))
            .cast("decimal(38,6)")
            .cast("double")
            .alias("rev_w"),
        ]
    return [
        dsum("l_extendedprice").alias("s_p"),
        dsum("l_discount").alias("s_d"),
        davg("l_discount").alias("a_d"),
        dsum_revenue().alias("rev"),
        dsum_revenue(where=F.col("l_discount") < 0.5).alias("rev_w"),
    ]


def _run(spark, rows, old: bool, parts: int | None = None, by_group: bool = True):
    """Sorted (group, result bits...) rows."""
    df = spark.createDataFrame(rows, SCHEMA)
    df = df if parts is None else df.repartition(parts)
    out = (df.groupBy("g") if by_group else df).agg(*_aggs(old)).collect()
    return sorted((r["g"] if by_group else None, *map(_bits, r[-5:])) for r in out)


def _rows(prices, discounts, base=0):
    """Every pair in its own group (so each row's conversion is checked
    alone) plus one group holding all of them (a mixed fast/slow sum)."""
    pairs = list(zip(prices, discounts))
    return [(base + i, p, d) for i, (p, d) in enumerate(pairs)] + [
        (base - 1, p, d) for p, d in pairs
    ]


@pytest.fixture
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")

    def set_(on: bool):
        spark.conf.set("spark.sql.ansi.enabled", str(on).lower())

    yield set_
    spark.conf.set("spark.sql.ansi.enabled", old)


def _assert_same(spark, rows, **kw):
    new, old = _run(spark, rows, False, **kw), _run(spark, rows, True, **kw)
    assert new == old


@pytest.mark.parametrize("on", [True, False])
def test_edge_values_match_decimal_casts(spark, ansi, on):
    ansi(on)
    vals = TIES + _near_ties() + EDGES + SPECIAL + FAST
    discounts = [0.05, 0.0, 1.0, 0.1, 0.9999995, -4.0, 5.5, None, 0.0000005, 1e-7]
    # each value as a price and as a discount, next to fast partners
    rows = _rows(vals, [discounts[i % len(discounts)] for i in range(len(vals))])
    rows += _rows([FAST[i % len(FAST)] for i in range(len(vals))], vals, base=10_000)
    _assert_same(spark, rows)


def test_null_and_empty_groups(spark, ansi):
    ansi(True)
    rows = [(1, None, None), (1, None, None), (2, 1.5, None), (3, None, 0.05), (4, 2.0, 0.1)]
    _assert_same(spark, rows)
    assert _run(spark, rows, False)[0][1:] == (None,) * 5  # all-null group: null
    _assert_same(spark, [])
    _assert_same(spark, [], by_group=False)
    assert _run(spark, [], False, by_group=False) == [(None,) * 6]


def _outcome(spark, rows, old: bool):
    """The results, or the error condition the query failed with."""
    try:
        return _run(spark, rows, old)
    except Exception as e:  # noqa: BLE001 -- the error class is the outcome
        return getattr(e, "getCondition", lambda: None)() or type(e).__name__


@pytest.mark.parametrize("on", [True, False])
@pytest.mark.parametrize("kind", sorted(BAD))
def test_failed_casts_fail_or_null_alike(spark, ansi, kind, on):
    """The same error class, or the same nulls (the row drops out of the
    sum), as the casts."""
    ansi(on)
    rows = [(0, 1.5, 0.05), (0, 3.5, 0.1)]
    for i, bad in enumerate(BAD[kind], 1):
        rows += [(i, bad, 0.05), (i, 2.5, 0.05), (-i, 2.5, bad), (-i, 3.5, 0.1)]
    new = _outcome(spark, rows, False)
    assert new == _outcome(spark, rows, True)
    assert isinstance(new, str) == (on and kind == "finite")


def test_seeded_sweep_and_partition_count(spark, ansi):
    ansi(True)
    rng = np.random.default_rng(20261020)
    n = 4000
    prices = np.round(rng.uniform(0, 1e5, n), 2)
    prices[::7] = rng.standard_cauchy(len(prices[::7])) * 1e4  # heavy tails
    prices[::11] = (rng.integers(-10**9, 10**9, len(prices[::11])) + 0.5) / 1e6  # decimal ties
    prices[::13] = rng.uniform(-2 * B, 2 * B, len(prices[::13]))  # across the fast edge
    discounts = np.round(rng.uniform(0, 0.1, n), 2)
    discounts[::5] = rng.uniform(-6, 6, len(discounts[::5]))  # |10^6 - u_d| past 2^22
    discounts[::17] = (rng.integers(0, 10**6, len(discounts[::17])) + 0.5) / 1e6
    groups = rng.integers(0, 40, n)
    rows = [(int(g), float(p), float(d)) for g, p, d in zip(groups, prices, discounts)]
    one, seven = _run(spark, rows, False, parts=1), _run(spark, rows, False, parts=7)
    assert one == seven
    assert seven == _run(spark, rows, True, parts=7)
