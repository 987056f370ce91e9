"""Mergeable t-digest quantile sketch — the general-purpose grouped
quantile path for unbounded / unknown value ranges.

Complements ``aggregate.histogram_quantiles`` (fixed-bin, all-JVM,
needs a bin width): the t-digest needs NO range hint and keeps
near-constant RANK error (k1 scale function concentrates centroids at
the tails), at the cost of routing batches through Arrow into numpy.

Spark shape (the part that matters at 100 TB):

1. **Partial phase** — ``mapInPandas`` builds one digest per group per
   input partition: raw values never shuffle; each partition emits
   ``(group, means[], weights[])`` centroid rows, ≤ ~delta centroids
   per group.  Shuffle volume is O(partitions × groups × delta),
   independent of row count — the same partial→merge contract Catalyst
   gives built-in aggregates, expressed through the Pandas UDF surface
   because the sketch state is not a built-in.
2. **Merge phase** — ``applyInPandas`` per group concatenates centroid
   sets, compresses once, interpolates quantiles.

Estimates are partitioning-DEPENDENT (merge order matters — inherent
to t-digest, same in Spark's own ``percentile_approx``), so exactness
tests pin the single-partition case and scale tests assert the rank
error bound, not values (tests/test_round2.py).

Reference behavioral anchor: the grouped-aggregate surface the
reference forwards to data.table (tests-06-readme.R:244-253), extended
to sketch aggregation per SURVEY.md §2 extensions.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.store_layout import _check_append_day, compact_all_days, compact_day
from ..sources.readers import read_parquet

__all__ = [
    "tdigest_quantiles",
    "tdigest_day_digests",
    "tdigest_rollup_build",
    "tdigest_rollup_append_day",
    "tdigest_rollup_compact",
    "tdigest_rollup_compact_all",
    "tdigest_rollup_range",
    "tdigest_rollup_build_grouped",
    "tdigest_rollup_range_grouped",
    "tdigest_rolling_quantiles",
    "TDIGEST_DELTA",
]

TDIGEST_DELTA = 200.0  # centroid budget; rank error ~ O(1/delta) mid, better at tails

_BUFFER_CAP = 20_000  # raw values buffered per group before an in-partition compress


def _k(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    """k1 scale function: k(q) = (delta / 2π)·asin(2q−1)."""
    return delta / (2.0 * math.pi) * np.arcsin(2.0 * np.asarray(q, dtype=float) - 1.0)


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    """Greedy merge of (mean, weight) clusters in mean order, bounded by
    the k1 size rule; raw values enter as weight-1 clusters."""
    order = np.argsort(means, kind="stable")
    m = np.asarray(means, dtype=float)[order]
    w = np.asarray(weights, dtype=float)[order]
    total = float(w.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cm, cw = float(m[0]), float(w[0])
    q0 = 0.0
    k0 = float(_k(0.0, delta))
    for i in range(1, len(m)):
        q_new = q0 + (cw + float(w[i])) / total
        if float(_k(min(q_new, 1.0), delta)) - k0 <= 1.0:
            nw = cw + float(w[i])
            cm = (cm * cw + float(m[i]) * float(w[i])) / nw
            cw = nw
        else:
            out_m.append(cm)
            out_w.append(cw)
            q0 += cw / total
            k0 = float(_k(min(q0, 1.0), delta))
            cm, cw = float(m[i]), float(w[i])
    out_m.append(cm)
    out_w.append(cw)
    return np.array(out_m), np.array(out_w)


def _quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Interpolate at centroid midpoints (Dunning's estimator)."""
    total = float(weights.sum())
    target = q * total
    cum = np.cumsum(weights) - weights / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    return float(np.interp(target, cum, means))


def tdigest_quantiles(
    df: DataFrame,
    by: str | Iterable[str],
    value_col: str,
    quantiles: Iterable[float] = (0.5, 0.9, 0.99),
    delta: float = TDIGEST_DELTA,
) -> DataFrame:
    """Per-group quantile estimates from a two-phase merging t-digest.

    Returns one row per group per quantile: ``by… , q, est``.
    """
    by = [by] if isinstance(by, str) else list(by)
    qs = [float(q) for q in quantiles]
    spark = df.sparkSession

    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*by).schema.fields
    )
    partial_schema = f"{key_fields}, means array<double>, weights array<double>"
    out_schema = f"{key_fields}, q double, est double"

    narrow = df.select(*by, F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-group (means, weights) cluster buffers for THIS partition
        state: dict[tuple, tuple[list, list]] = {}
        for pdf in batches:
            for key, grp in pdf.groupby(by, sort=False, dropna=False):
                key = key if isinstance(key, tuple) else (key,)
                ms, ws = state.setdefault(key, ([], []))
                ms.extend(grp["__v"].to_numpy())
                ws.extend([1.0] * len(grp))
                if len(ms) > _BUFFER_CAP:
                    cm, cw = _compress(np.array(ms), np.array(ws), delta)
                    state[key] = (list(cm), list(cw))
        rows = []
        for key, (ms, ws) in state.items():
            cm, cw = _compress(np.array(ms), np.array(ws), delta)
            rows.append((*key, list(cm), list(cw)))
        if rows:
            yield pd.DataFrame(rows, columns=[*by, "means", "weights"])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        key = [pdf.iloc[0][c] for c in by]
        return pd.DataFrame(
            [(*key, q, _quantile(cm, cw, q)) for q in qs],
            columns=[*by, "q", "est"],
        )

    return (
        narrow.mapInPandas(partials, schema=partial_schema)
        .groupBy(*by)
        .applyInPandas(merge, schema=out_schema)
    )


# --------------------------------------------------------------------- #
# Persisted quantile rollup — the t-digest as a continuous aggregate
# (the TimescaleDB percentile-rollup pattern): one compressed digest row
# per day lands in parquet, and any range's quantiles come from merging
# the range's digest rows — raw values are read once, at build time.
# At 100 TB: "p99 latency over any trailing month" costs days × ~delta
# centroid rows from the store instead of a range rescan, and a new day
# appends one digest row.  Same build/append/range verb triad as the
# HLL rollup store (functions/sketches.py).
# --------------------------------------------------------------------- #


def _keyed_digest_rows(
    narrow: DataFrame, keys: list[str], delta: float
) -> DataFrame:
    """Digest pipeline over a pre-narrowed ``(keys…, __v)`` frame (string
    keys): per-partition partial digests per key tuple, merged to ONE
    compressed centroid row per key tuple."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, tuple[list, list]] = {}
        for pdf in batches:
            for key, grp in pdf.groupby(keys, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                ms, ws = state.setdefault(key, ([], []))
                ms.extend(grp["__v"].to_numpy())
                ws.extend([1.0] * len(grp))
                if len(ms) > _BUFFER_CAP:
                    cm, cw = _compress(np.array(ms), np.array(ws), delta)
                    state[key] = (list(cm), list(cw))
        rows = []
        for key, (ms, ws) in state.items():
            cm, cw = _compress(np.array(ms), np.array(ws), delta)
            rows.append((*key, list(cm), list(cw)))
        if rows:
            yield pd.DataFrame(rows, columns=[*keys, "means", "weights"])

    def merge_keyed(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        return pd.DataFrame(
            [(*[pdf.iloc[0][k] for k in keys], list(cm), list(cw))],
            columns=[*keys, "means", "weights"],
        )

    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", means array<double>, weights array<double>"
    )
    return (
        narrow.mapInPandas(partials, schema=schema)
        .groupBy(*keys)
        .applyInPandas(merge_keyed, schema=schema)
    )


def _day_digest_rows(narrow: DataFrame, delta: float) -> DataFrame:
    """Shared digest pipeline over a pre-narrowed ``(day, __v)`` frame:
    per-partition partial digests keyed by day, merged to ONE compressed
    centroid row per day."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[str, tuple[list, list]] = {}
        for pdf in batches:
            for key, grp in pdf.groupby("day", sort=False):
                ms, ws = state.setdefault(key, ([], []))
                ms.extend(grp["__v"].to_numpy())
                ws.extend([1.0] * len(grp))
                if len(ms) > _BUFFER_CAP:
                    cm, cw = _compress(np.array(ms), np.array(ws), delta)
                    state[key] = (list(cm), list(cw))
        rows = []
        for key, (ms, ws) in state.items():
            cm, cw = _compress(np.array(ms), np.array(ws), delta)
            rows.append((key, list(cm), list(cw)))
        if rows:
            yield pd.DataFrame(rows, columns=["day", "means", "weights"])

    def merge_digest(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        return pd.DataFrame(
            [(pdf.iloc[0]["day"], list(cm), list(cw))],
            columns=["day", "means", "weights"],
        )

    schema = "day string, means array<double>, weights array<double>"
    return (
        narrow.mapInPandas(partials, schema=schema)
        .groupBy("day")
        .applyInPandas(merge_digest, schema=schema)
    )


def tdigest_day_digests(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    delta: float = TDIGEST_DELTA,
) -> DataFrame:
    """One compressed digest row ``(day, means[], weights[])`` per day —
    the partial phase keyed by calendar day, merged to a single centroid
    set per day (the storable unit, NOT quantiles: quantiles are not
    mergeable, digests are)."""
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    narrow = df.select(day, F.col(value_col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    return _day_digest_rows(narrow, delta)


def tdigest_rollup_build(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    value_col: str = "value",
    delta: float = TDIGEST_DELTA,
) -> None:
    """Materialize the per-day digest table at ``path`` (partitioned by
    day — range reads partition-prune, and appending a new day's digest
    row touches no prior files, exactly like hll_rollup_append_day)."""
    tdigest_day_digests(df, ts_col, value_col, delta).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(path)


def tdigest_rollup_append_day(
    df_day: DataFrame,
    path: str,
    day: str,
    value_col: str = "value",
    delta: float = TDIGEST_DELTA,
) -> None:
    """Incremental maintenance: digest ONE day's values (caller filters)
    and append the resulting digest row as a file in the ``day=``
    partition — prior days' files are never rewritten, exactly like
    ``hll_rollup_append_day``.

    The semantic difference from the HLL store: digest WEIGHTS ARE
    ADDITIVE, not MAX-idempotent.  A day may be split across any number
    of appends (each value delivered exactly once — per-batch writers,
    backfills), and the read-side merge recovers the full day; but
    REPLAYING a slice double-counts its weight.  At-least-once delivery
    needs a dedup step in front of this verb; the HLL store tolerates it
    natively.  Documented here because it is the load-bearing contract
    difference between max-mergeable and sum-mergeable sketch stores.
    Rejects a FORGOTTEN day (r13: the ``rollup_expire`` day-retention
    marker — in THIS additive-weight family a resurrected day does not
    merely reappear, it can double-count against any surviving copy)."""
    _check_append_day(day, path)
    narrow = df_day.select(
        F.lit(day).alias("day"), F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    _day_digest_rows(narrow, delta).write.mode("append").partitionBy("day").parquet(
        path
    )


def tdigest_rollup_compact(
    spark, path: str, day: str, delta: float = TDIGEST_DELTA
) -> int:
    """The quantile store's third verb (build / append / COMPACT):
    re-merge ONE day's digest rows into a single compressed row in a
    single file.  Returns the data-file count after compaction (1).

    Per-append digest rows accumulate exactly like the HLL store's
    register files — read cost grows with APPEND COUNT, not data — so
    compaction rewrites only ``day=<day>``; other days' files keep their
    identity.  What is and
    is not preserved, precisely: the merged day's TOTAL WEIGHT equals
    the sum of the input rows' weights exactly (integer-valued doubles,
    exact below 2^53 — pinned in tests/test_round7.py), while quantile
    ESTIMATES may move within the rank-error band, because t-digest
    merge is order-dependent (inherent; same reason
    ``tdigest_rollup_range``'s driver-hashed claim is the band, not the
    value)."""

    def merge_one(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        return pd.DataFrame([(list(cm), list(cw))], columns=["means", "weights"])

    return compact_day(
        spark,
        path,
        day,
        lambda raw, dest: raw.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(merge_one, schema="means array<double>, weights array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dest),
    )


def tdigest_rollup_compact_all(spark, path: str) -> dict[str, int]:
    """Compact every day holding more than one data file
    (``store_layout.compact_all_days``)."""
    return compact_all_days(path, lambda day: tdigest_rollup_compact(spark, path, day))


def tdigest_rollup_range(
    spark,
    path: str,
    lo: str,
    hi: str,
    quantiles: Iterable[float] = (0.5, 0.9, 0.99),
    delta: float = TDIGEST_DELTA,
) -> DataFrame:
    """Range quantiles from the persisted digest table alone:
    ``(q, est)`` for days in ``[lo, hi]`` — merges the range's digest
    rows (days × ~delta centroids) and never rescans the raw values."""
    qs = [float(q) for q in quantiles]
    digests = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )

    def merge_all(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        return pd.DataFrame(
            [(q, _quantile(cm, cw, q)) for q in qs], columns=["q", "est"]
        )

    return (
        digests.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(merge_all, schema="q double, est double")
    )


def tdigest_rolling_quantiles(
    spark,
    path: str,
    window_days: int = 7,
    quantiles: Iterable[float] = (0.5, 0.9, 0.99),
    delta: float = TDIGEST_DELTA,
) -> DataFrame:
    """Rolling ``window_days``-day quantiles computed ENTIRELY from the
    persisted day-digest table — the quantile member of the rolling
    family (HLL rolls distinct counts, theta overlap, CMS frequency):
    each stored day's digest row fans out to the ≤``window_days``
    windows containing it (integer epoch-day offsets), the window's
    digests concat-compress per window, and quantiles interpolate from
    the merged centroids.  ``(day_end, q, est)``, windows keyed by their
    END epoch-day, spine = days present in the store (partial leading
    windows included — same rule as ``hll_rolling_merge_sql``).  At
    100 TB a rolling p99 over any horizon costs days·~delta centroid
    rows from the store; raw values are read once, at build time."""
    qs = [float(q) for q in quantiles]
    d = read_parquet(spark, path).select(
        F.datediff(F.col("day").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
        "means",
        "weights",
    )
    off = F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("i")
    fan = d.select("day_num", "means", "weights", off).select(
        (F.col("day_num") + F.col("i")).alias("day_end"), "means", "weights"
    )
    spine = d.select(F.col("day_num").alias("day_end")).distinct()
    win = fan.join(F.broadcast(spine), "day_end")

    def merge_win(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        de = int(pdf.iloc[0]["day_end"])
        return pd.DataFrame(
            [(de, q, _quantile(cm, cw, q)) for q in qs],
            columns=["day_end", "q", "est"],
        )

    return win.groupBy("day_end").applyInPandas(
        merge_win, schema="day_end long, q double, est double"
    )


def tdigest_rollup_build_grouped(
    df: DataFrame,
    path: str,
    group_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    delta: float = TDIGEST_DELTA,
) -> None:
    """GROUPED quantile rollup: one digest row per (group, day) in
    day-partitioned parquet — the per-tenant / per-endpoint percentile
    continuous aggregate ("p99 latency per service over any window").
    Same storage contract as the ungrouped store; the group dimension
    multiplies rows, never merge width."""
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    narrow = df.select(
        F.col(group_col).cast("string").alias("grp"),
        day,
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())
    _keyed_digest_rows(narrow, ["grp", "day"], delta).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(path)


def tdigest_rollup_range_grouped(
    spark,
    path: str,
    lo: str,
    hi: str,
    quantiles: Iterable[float] = (0.5, 0.9, 0.99),
    delta: float = TDIGEST_DELTA,
) -> DataFrame:
    """Per-group range quantiles from the grouped store alone:
    ``(grp, q, est)`` for days in ``[lo, hi]`` — merges each group's
    digest rows over the partition-pruned range."""
    qs = [float(q) for q in quantiles]
    digests = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )

    def merge_grp(pdf: pd.DataFrame) -> pd.DataFrame:
        means = np.concatenate([np.asarray(a) for a in pdf["means"]])
        weights = np.concatenate([np.asarray(a) for a in pdf["weights"]])
        cm, cw = _compress(means, weights, delta)
        g = pdf.iloc[0]["grp"]
        return pd.DataFrame(
            [(g, q, _quantile(cm, cw, q)) for q in qs],
            columns=["grp", "q", "est"],
        )

    return digests.groupBy("grp").applyInPandas(
        merge_grp, schema="grp string, q double, est double"
    )
