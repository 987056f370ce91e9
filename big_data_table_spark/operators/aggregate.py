"""Aggregation operators.

Re-expresses the reference's aggregation surface (SURVEY.md §2
"Aggregations") with Catalyst's automatic partial→final split replacing the
reference's manual ``outer.aggregate`` protocol (big.data.table.R:138-151) —
the correctness trap analyzed in SURVEY.md §4.2 (``.N`` re-aggregation
returning the count of partials, mean-of-means) cannot occur here.

Scale notes: every grouped aggregate below is a map-side partial aggregate +
one shuffle on the group keys + final aggregate; high-cardinality keys
(``l_orderkey``) stay balanced under hash partitioning, and AQE coalesces
the post-shuffle partitions.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core import NODE_COL, NODE_REF


def agg_all(
    df: DataFrame,
    by: str | Iterable[str],
    fn: Callable[[str], Column] = F.sum,
    cols: Iterable[str] | None = None,
    prefix: str = "",
) -> DataFrame:
    """``lapply(.SD, fn)`` — aggregate every non-group column (reference
    README.md:220-224, tests-06-readme.R:244-253).  Numeric columns only by
    default, matching what ``sum``/``mean`` over ``.SD`` does in practice.
    """
    by = [by] if isinstance(by, str) else list(by)
    if cols is None:
        numeric = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}
        cols = [
            c
            for c, t in df.dtypes
            if c not in by and (t in numeric or t.startswith("decimal"))
        ]
    return df.groupBy(*by).agg(*[fn(c).alias(prefix + c) for c in cols])


def partials(
    df: DataFrame,
    by: str | Iterable[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Per-shard partial aggregation — the reference's *default* result
    shape (``outer.aggregate=FALSE``, big.data.table.R:138-151; pinned by
    tests-04-sub-.big.data.table.R:23-32 as nrow == nodes × groups).
    Exposed as an opt-in diagnostic: group keys are prefixed with the
    physical partition id ``.node``."""
    by = [by] if isinstance(by, str) else list(by)
    return (
        df.withColumn(NODE_COL, F.spark_partition_id())
        .groupBy(F.col(NODE_REF), *by)
        .agg(*[v.alias(k) for k, v in aggs.items()])
    )


def two_phase(
    df: DataFrame,
    by: str | Iterable[str],
    aggs: dict[str, Column],
    final: dict[str, Column],
) -> DataFrame:
    """The reference's manual two-phase pattern
    ``bdt[, .(v=sum(v)), k][, .(v=sum(v)), k]`` (README.md:166-178,
    tests-06-readme.R:135-164).  In Spark a single ``groupBy.agg`` already
    executes partial→final; this helper exists to pin the *chained* form's
    equivalence in tests (and for re-aggregating ``partials`` output)."""
    by = [by] if isinstance(by, str) else list(by)
    phase1 = partials(df, by, aggs)
    return phase1.groupBy(*by).agg(*[v.alias(k) for k, v in final.items()])


# Exact fixed-point sums on unscaled longs.  ``CAST(x AS DECIMAL(18,s))``
# costs a ``Double.toString`` per row and the decimal(28|38,·) sum buffer a
# BigDecimal per row; the kernel below computes the same unscaled value
# as a long and sums it in 21-bit limbs, so decimals appear once per group.
_LIMB = 21
_LIMB_MASK = (1 << _LIMB) - 1
_FAST_BOUND = float(1 << 40)  # |x·10^s| below this: fast path
_TIE_MARGIN = 2.0**-10  # ... and this far from a rounding tie


def _unscaled(c: Column, scale: int) -> tuple[Column, Column, Column]:
    """``(r, fast, exact)`` for the unscaled long of
    ``CAST(c AS DECIMAL(18,scale))``: ``exact`` is that value, ``r`` equals
    it wherever ``fast`` holds, and costs no decimal.

    Spark casts a double ``x`` through ``BigDecimal(Double.toString(x))``
    rounded HALF_UP.  That decimal lies within 1.5 ulp(y) of the double
    ``y = x·10^s``, and ulp(y) <= 2^-13 while ``|y| < 2^40``.  So where
    also ``|y - r| < 0.5 - 2^-10`` for ``r = floor(y + 0.5)`` (``y`` is
    more than 2^-10 from a tie; ``y - r`` is exact in this range), ``r``
    is the integer the cast rounds to.  Every other row (near-ties, large
    magnitudes, NaN, ±Inf) needs ``exact``, with the cast's ANSI error or
    non-ANSI null."""
    y = c * F.lit(float(10**scale))
    r = F.floor(y + F.lit(0.5))
    fast = (F.abs(y) < F.lit(_FAST_BOUND)) & (F.abs(y - r) < F.lit(0.5 - _TIE_MARGIN))
    exact = (c.cast(f"decimal(18,{scale})") * F.lit(10**scale)).cast("bigint")
    return r, fast, exact


def _limb_sum(u: Column) -> Column:
    """``sum(u)`` as ``decimal(38,0)``, exact: three long sums of 21-bit
    limbs of ``u`` (the top one signed; each at most 2^21 in magnitude for
    any long), none of which can overflow below 2^42 rows per group;
    recombined once per group."""
    s0 = F.sum(u.bitwiseAND(F.lit(_LIMB_MASK)))
    s1 = F.sum(F.shiftright(u, _LIMB).bitwiseAND(F.lit(_LIMB_MASK)))
    s2 = F.sum(F.shiftright(u, 2 * _LIMB))
    return (
        s0.cast("decimal(38,0)")
        + s1.cast("decimal(38,0)") * F.lit(1 << _LIMB)
        + s2.cast("decimal(38,0)") * F.lit(1 << 2 * _LIMB)
    )


def _rescale(unscaled: Column, precision: int, scale: int) -> Column:
    """The ``decimal(precision,scale)`` whose unscaled value is the
    integral ``unscaled``: read back through its digits, because decimal
    division's result scale depends on ``spark.sql.decimalOperations.
    allowPrecisionLoss``.  A value past the precision fails under ANSI
    and is null otherwise, as the sum it replaces is."""
    return F.concat(unscaled.cast("string"), F.lit(f"E-{scale}")).cast(
        f"decimal({precision},{scale})"
    )


def dsum(col: str | Column, scale: int = 6) -> Column:
    """Deterministic double sum: the exact sum of the values cast to
    ``decimal(18,scale)``, as a double.  Floating-point ``sum`` is
    non-associative — the same query on 32 vs 1000 partitions would
    differ in the last bits; an exact sum is bit-stable and
    oracle-comparable.

    For a column name the sum runs on unscaled longs (:func:`_unscaled`,
    :func:`_limb_sum`) and is rebuilt as today's ``decimal(28,scale)``
    once per group; ``Decimal.toDouble`` depends only on the value, so
    the double is the one ``SUM(CAST(x AS DECIMAL(18,scale)))`` gives.
    A ``Column`` argument sums the casts themselves."""
    if isinstance(col, str):
        return _dsum_kernel(col, scale)
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# The kernels are built once per process: a Column is an immutable
# expression, and building one anew costs ~100 Py4J calls, which cost a
# q1 build more time than its plan's analysis.
@functools.cache
def _dsum_kernel(name: str, scale: int) -> Column:
    r, fast, exact = _unscaled(F.col(name), scale)
    return _rescale(_limb_sum(F.when(fast, r).otherwise(exact)), 28, scale).cast("double")


def davg(col: str | Column, scale: int = 6) -> Column:
    """Deterministic double mean: :func:`dsum` / non-null count."""
    return dsum(col, scale) / F.count(F.col(col) if isinstance(col, str) else col)


def revenue() -> Column:
    """Per-row TPC-H revenue ``l_extendedprice·(1 - l_discount)`` in exact
    decimal: the product of the two ``decimal(18,6)`` casts is
    ``decimal(38,12)`` and loses nothing."""
    return F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )


def dsum_revenue(where: Column | None = None) -> Column:
    """Exact summed :func:`revenue` as a double, the sum every revenue
    query shares: summed exactly, rounded HALF_UP to scale 6 and cast to
    double, the form the DuckDB oracles spell out.  ``where`` keeps only
    the rows it holds for.

    The sum runs on the unscaled scale-12 product ``u_p·(10^6 - u_d)`` of
    the two :func:`_unscaled` values.  Where both are on the fast path
    and ``|10^6 - u_d| < 2^22`` the product is below 2^62 and is summed
    as a long in limbs; every other row adds its product, from the exact
    values, in a ``decimal(38,0)`` side sum.  The total is rebuilt once
    per group as the ``decimal(38,12)`` that summing :func:`revenue`
    gives."""
    return _revenue_kernel() if where is None else _revenue_sum(where)


@functools.cache
def _revenue_kernel() -> Column:
    return _revenue_sum(None)


def _revenue_sum(where: Column | None) -> Column:
    rp, fast_p, xp = _unscaled(F.col("l_extendedprice"), 6)
    rd, fast_d, xd = _unscaled(F.col("l_discount"), 6)
    # |10^6 - r_d| is checked in double: r_d may be any long off the fast path
    fast = fast_p & fast_d & (F.abs(F.lit(1e6) - rd) < F.lit(float(1 << 22)))
    slow = ~fast
    if where is not None:
        fast, slow = where & fast, where & slow
    longs = _limb_sum(F.when(fast, rp * (F.lit(10**6) - rd)))
    wide = F.sum(
        F.when(slow, xp.cast("decimal(19,0)") * (F.lit(10**6) - xd).cast("decimal(19,0)"))
    )
    total = F.coalesce(longs + wide, longs, wide)
    return _rescale(total, 38, 12).cast("decimal(38,6)").cast("double")


def histogram_quantiles(
    df: DataFrame,
    by: str | Iterable[str],
    value_col: str,
    quantiles: Iterable[float] = (0.5, 0.9, 0.99),
    bin_width: float = 1000.0,
) -> DataFrame:
    """Per-group quantiles from a MERGEABLE fixed-bin histogram sketch —
    the 100 TB quantile path that exact ``percentile`` (full sort per
    group) cannot serve.

    The sketch is the (group, bin) → count table with equi-width bins
    anchored at 0: building it IS one map-side-combinable aggregation, so
    Catalyst's partial aggregate is the per-partition sketch and the
    shuffle merges sketches — no second pass, no data-dependent range
    scan, sketch size bounded by value range / bin_width regardless of
    row count.  (A t-digest via applyInPandas would route every row
    through Python for strictly worse plans at the same rank-error
    grain; the fixed-bin form keeps the whole pipeline JVM-side.)

    The quantile estimate for q is the LOWER EDGE of the first bin whose
    cumulative count reaches ceil(q·n) — deterministic and shared with
    the DuckDB oracle by construction; absolute error ≤ bin_width is
    asserted against exact percentiles in tests/test_operators.py.
    """
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    sketch = (
        df.select(*by, (F.floor(F.col(value_col) / bin_width)).alias("bin"))
        .groupBy(*by, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*by).orderBy("bin")
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy(*by))
    )
    qs = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q")
    hits = cum.select(*by, "bin", "cum", "n", qs).filter(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n"))
    )
    return hits.groupBy(*by, "q").agg(
        (F.min("bin") * F.lit(bin_width)).alias("est")
    )
