"""Persisted Misra-Gries / SpaceSaving day store — the SUMMARY-PRUNE
member of the six-family store matrix (split from sketches.py, r9; the
public surface stays importable from ``functions.sketches``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .store_layout import (
    _CHUNK_RETENTION_FILE,
    _check_append_chunk,
    _check_append_day,
    _guard_expired_days,
    _read_compact_watermark,
    _write_int_marker_monotone,
    compact_day,
)
from ..sources.readers import read_parquet


# ------------------------------------------------------------------ #
# persisted Misra-Gries / SpaceSaving day store — the SUMMARY-PRUNE
# member of the store matrix (sixth sketch family).  Row schema:
# (day, chunk, v, c, ube, thr):
#   c   — the key's EXACT count within the summarized slice (lower
#         bound contribution: pruning keeps exact counts, it only
#         drops keys),
#   ube — per-key upper-bound extra accumulated by compaction (the
#         thresholds of sibling chunks the key was absent from),
#   thr — the summary's threshold: the largest count it dropped (any
#         key absent from this summary has slice count ≤ thr).
# Range-read algebra (provable true_cnt ∈ [lower, upper]):
#   lower(v) = Σ c over summaries containing v
#   upper(v) = lower + Σ ube + Σ thr over summaries NOT containing v
# Compaction merges a day's chunks WITHOUT re-pruning (≤ chunks·cap
# rows): c sums, ube absorbs absent-sibling thresholds, thr sums —
# the algebra above is BIT-IDENTICAL before and after (pinned in
# test_round9), the store's merge law.  Reference analogue: the
# reference gathers partial results per node (big.data.table.R
# bdt.eval scatter/gather); here the per-slice summaries are the
# partials and the range read is the gather, with honest bounds.
# ------------------------------------------------------------------ #

def chunk_expire(path: str, before_chunk: int, day: str | None = None) -> list[str]:
    """CHUNK-dimension retention WITHIN retained days (r11 VERDICT #5 —
    the missing axis of the retention matrix: ``rollup_expire`` drops
    whole days; this drops batches inside a day): remove every
    ``chunk=<id>`` partition with ``0 <= id < before_chunk`` under
    ``day=<day>`` (or under EVERY day when ``day is None`` — the
    batch-ids-are-global convention the streaming writers use).  Like
    day expiry it is directory removal — no engine, no scan, and the
    range readers re-derive honestly from the surviving chunks (the
    per-(day, chunk, g) bound algebra never assumed a dense chunk
    sequence).  Persists a MONOTONE retention marker
    (``.chunk_retention`` / ``.chunk_retention.<day>``) that the shared
    appender guard enforces, so a late-arriving replay of a forgotten
    batch cannot resurrect it; replayed or lower-cutoff expires are
    no-ops (marker monotone, dirs already gone).

    REFUSES (ValueError) when an affected day carries a compaction
    watermark: chunks at or below the watermark live only inside the
    merged ``chunk=-1`` partition, where a chunk-granular drop is
    physically impossible — run chunk retention BEFORE compaction, or
    rebuild the day.  Returns the dropped partition paths (relative).

    Crash ordering (r12 review): the marker is persisted BEFORE the
    directory removals.  A crash between the two leaves the chunks on
    disk but the guard armed — re-running the verb completes the drop
    (marker write is a monotone no-op), and a late replay of the
    forgotten batch already RAISES.  The reverse order had the
    unacceptable window: dirs gone, no marker, so a replay could
    silently resurrect forgotten data — the exact failure the marker
    exists to prevent."""
    import os
    import shutil

    days = (
        [f"day={day}"]
        if day is not None
        else sorted(d for d in os.listdir(path) if d.startswith("day="))
    )
    for d in days:
        sc = d.split("=", 1)[1]
        wm_scoped = _read_compact_watermark(path, scope=sc)
        wm_global = _read_compact_watermark(path)
        wm = max((w for w in (wm_scoped, wm_global) if w is not None), default=None)
        if wm is not None and before_chunk > 0:
            raise ValueError(
                f"day {sc} carries compaction watermark {wm}: chunks "
                "<= the watermark were merged into chunk=-1 and cannot "
                "be dropped at chunk granularity; run chunk_expire "
                "before compaction or rebuild the day"
            )
    name = (
        _CHUNK_RETENTION_FILE
        if day is None
        else f"{_CHUNK_RETENTION_FILE}.{day}"
    )
    _write_int_marker_monotone(path, name, before_chunk)
    dropped: list[str] = []
    for d in days:
        part_dir = os.path.join(path, d)
        if not os.path.isdir(part_dir):
            continue
        for c in sorted(os.listdir(part_dir)):
            if not c.startswith("chunk="):
                continue
            cid = int(c.split("=", 1)[1])
            if 0 <= cid < before_chunk:
                shutil.rmtree(os.path.join(part_dir, c))
                dropped.append(f"{d}/{c}")
    return dropped


def mg_chunk_summary(
    ev_chunk: DataFrame,
    day: str,
    chunk: int,
    value_col: str = "user_id",
    cap: int = 16,
) -> DataFrame:
    """Deterministic SpaceSaving-style summary of ONE slice: exact
    per-key counts, keep the top-``cap`` by (count DESC, key) via
    TakeOrderedAndProject (single literal slice — never a rank window
    that folds to a one-task sort, the r7 theta-store gotcha), record
    ``thr`` = the largest dropped count (0 when nothing dropped).
    The summary is a pure function of the slice's key multiset, so a
    replayed append writes byte-identical rows — SET-class replay
    absorption via the read path's DISTINCT."""
    counts = (
        ev_chunk.select(F.col(value_col).cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # feeds kept AND the threshold scan
    )
    from .sketches import exact_top_keys

    kept = exact_top_keys(counts, "c", "v", cap)
    thr = (
        counts.join(F.broadcast(kept.select("v")), "v", "left_anti")
        .agg(F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("thr"))
    )
    return kept.crossJoin(F.broadcast(thr)).select(
        F.lit(day).alias("day"),
        F.lit(int(chunk)).alias("chunk"),
        "v",
        "c",
        F.lit(0).cast("long").alias("ube"),
        "thr",
    )


def _mg_day_summaries(
    ev: DataFrame,
    value_col: str,
    ts_col: str,
    cap: int,
    chunk: int,
) -> DataFrame:
    """Per-day summary rows (day, chunk, v, c, ube, thr) for a multi-day
    slice in ONE pass: exact (day, key) counts, a per-day rank window
    (partitioned by day — the theta-store build shape), top-``cap``
    kept with the max dropped count as ``thr``."""
    from pyspark.sql import Window

    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    counts = (
        ev.select(day, F.col(value_col).cast("long").alias("v"))
        .groupBy("day", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("day").orderBy(F.col("c").desc(), "v")
    ranked = counts.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )  # feeds kept AND thr
    thr = ranked.groupBy("day").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") > cap, F.col("c"))), F.lit(0)
        ).cast("long").alias("thr")
    )
    return (
        ranked.filter(F.col("rn") <= cap)
        .drop("rn")
        .join(F.broadcast(thr), "day")
        .select("day", F.lit(int(chunk)).alias("chunk"), "v", "c",
                F.lit(0).cast("long").alias("ube"), "thr")
    )


def mg_rollup_build(
    ev: DataFrame,
    path: str,
    value_col: str = "user_id",
    ts_col: str = "ts",
    cap: int = 16,
) -> None:
    """Materialize the per-day summary table at ``path`` (partitioned by
    ISO day string, single chunk 0)."""
    rows = _mg_day_summaries(ev, value_col, ts_col, cap, chunk=0)
    rows.write.mode("overwrite").partitionBy("day", "chunk").parquet(path)


def mg_rollup_append_batch(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    value_col: str = "user_id",
    ts_col: str = "ts",
    cap: int = 16,
) -> None:
    """Streaming-side append: one micro-batch's per-day summaries land
    as ``chunk=<batch_id>`` partitions under every day the batch
    touched — the foreachBatch twin of :func:`mg_rollup_append_chunk`.
    The summary is a deterministic function of the batch slice, so an
    at-least-once replay appends byte-identical rows and the read
    path's DISTINCT absorbs them (SET class — no overwrite
    choreography needed, the simplest replay contract in the store
    matrix).  Batch ids must be non-negative (negative = reserved for
    compaction), unique per day across appenders, and above every
    day's compaction watermark (a multi-day batch checks the max
    across days).  Days are data-borne here, so the day-retention
    cutoff (``rollup_expire``) is enforced executor-side
    (``store_layout._guard_expired_days`` — a replayed batch touching
    a forgotten day raises inside the write job, landing nothing)."""
    _check_append_chunk(batch_id, store_path=path, scope="*")
    rows = _guard_expired_days(
        _mg_day_summaries(batch_df, value_col, ts_col, cap, chunk=batch_id), path
    )
    rows.write.mode("append").partitionBy("day", "chunk").parquet(path)


def mg_rollup_append_chunk(
    ev_chunk: DataFrame,
    path: str,
    day: str,
    chunk: int,
    value_col: str = "user_id",
    cap: int = 16,
) -> None:
    """Incremental maintenance: summarize ONE slice (caller filters) and
    append its ≤ cap+... rows under ``day=<day>``.  At-least-once safe:
    the summary is deterministic, so a replay appends duplicate
    identical rows and the read path's DISTINCT absorbs them (same SET
    contract as the theta store's samples).  Chunk ids must be
    non-negative (negative = reserved for compaction) and unique per
    day across appenders — two slices under one (day, chunk) would mix
    summaries with different thresholds — and above the day's
    compaction watermark (a replay of a merged slice after compaction
    cannot be DISTINCT-absorbed: its merged copy in chunk=-1 carries
    different thr/ube, so it would double-count).  Rejects a FORGOTTEN
    day (the ``rollup_expire`` day-retention marker)."""
    _check_append_chunk(chunk, store_path=path, scope=day)
    _check_append_day(day, path)
    rows = mg_chunk_summary(ev_chunk, day, chunk, value_col, cap)
    rows.write.mode("append").partitionBy("day", "chunk").parquet(path)


def mg_rollup_compact(spark, path: str, day: str) -> int:
    """Compaction verb: merge one day's chunk summaries into a single
    summary at the RESERVED ``chunk=-1`` (appenders reject negative
    ids, so no later append can collide with the compacted summary)
    WITHOUT re-pruning (≤ chunks·cap rows — still
    bounded): per key, ``c`` sums over chunks containing it and ``ube``
    absorbs the thresholds of sibling chunks it was absent from; the
    merged ``thr`` is the chunk thresholds' sum.  The range-read
    algebra is bit-identical before and after (the store's merge law,
    pinned in test_round9)."""

    def merge(raw, dest):
        rows = raw.distinct()
        thrs = rows.select("chunk", "thr").distinct().localCheckpoint(eager=True)
        tot = thrs.agg(F.sum("thr").cast("long").alias("t"))
        (
            rows.groupBy("v")
            .agg(
                F.sum("c").cast("long").alias("c"),
                F.sum("ube").cast("long").alias("ube0"),
                F.sum("thr").cast("long").alias("pthr"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                # chunk stays a directory partition (dest is chunk=-1,
                # the reserved compact id), never an in-file column
                "v",
                "c",
                (F.col("ube0") + F.col("t") - F.col("pthr")).cast("long").alias("ube"),
                F.col("t").alias("thr"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dest)
        )

    return compact_day(spark, path, day, merge, chunked=True)


def mg_rollup_range_topk(
    spark,
    path: str,
    lo: str,
    hi: str,
    topk: int = 20,
    checkpoint: bool = True,
) -> DataFrame:
    """Range heavy hitters from the persisted summaries alone:
    ``(key, lower_cnt, upper_cnt)`` for days in ``[lo, hi]`` — top-k by
    the exact lower bound with the (lower DESC, key) tie-break via
    TakeOrderedAndProject.  The plan scans only the partition-pruned
    summary files (≤ days·chunks·(cap+1) rows), never events; the
    bounds are provable: a key's true range count is ≥ the sum of its
    kept exact counts and ≤ that plus every summary it was absent from
    contributing at most its threshold (plus compaction's absorbed
    ``ube``)."""
    rows = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .distinct()  # replay absorption (SET merge class)
    )
    if checkpoint:
        rows = rows.localCheckpoint(eager=True)
    thrs = rows.select("day", "chunk", "thr").distinct()
    tot = thrs.agg(F.sum("thr").cast("long").alias("t"))
    per_key = rows.groupBy("v").agg(
        F.sum("c").cast("long").alias("lower_cnt"),
        F.sum("ube").cast("long").alias("ube"),
        F.sum("thr").cast("long").alias("pthr"),
    )
    bounds = per_key.crossJoin(F.broadcast(tot)).select(
        F.col("v").alias("key"),
        "lower_cnt",
        (F.col("lower_cnt") + F.col("ube") + F.col("t") - F.col("pthr"))
        .cast("long")
        .alias("upper_cnt"),
    )
    from .sketches import exact_top_keys

    return exact_top_keys(bounds, "lower_cnt", "key", topk)


def mg_rollup_range_sql(
    src: str,
    value_col: str,
    lo: str,
    hi: str,
    dialect: str,
    cap: int = 16,
    topk: int = 20,
    chunk_sql: str = "0",
) -> str:
    """Oracle for the MG store's range read computed from RAW events:
    replicates the deterministic summary construction (per-day exact
    counts → per-slice top-``cap`` by (count DESC, key) → threshold =
    max dropped) and the range algebra, so the store answer is
    value-identical by construction.  ``chunk_sql`` models how the
    store was sliced (a chunk id expression over the event row —
    parity split, batch id); compaction is bit-neutral, so the
    pre-compact structure is the oracle for the post-compact store
    too."""
    day = "CAST(CAST(ts AS DATE) AS STRING)"
    chunk = chunk_sql
    return f"""
WITH ev AS (
  SELECT {day} AS day, {chunk} AS chunk,
    CAST({value_col} AS BIGINT) AS v
  FROM {src}
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'),
counts AS (
  SELECT day, chunk, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY day, chunk, v),
ranked AS (
  SELECT day, chunk, v, c,
    ROW_NUMBER() OVER (PARTITION BY day, chunk
      ORDER BY c DESC, v) AS rn
  FROM counts),
kept AS (SELECT day, chunk, v, c FROM ranked WHERE rn <= {cap}),
thr AS (
  SELECT day, chunk,
    CAST(COALESCE(MAX(CASE WHEN rn > {cap} THEN c END), 0) AS BIGINT)
      AS thr
  FROM ranked GROUP BY day, chunk),
tot AS (SELECT CAST(SUM(thr) AS BIGINT) AS t FROM thr),
per_key AS (
  SELECT k.v, CAST(SUM(k.c) AS BIGINT) AS lower_cnt,
    CAST(SUM(th.thr) AS BIGINT) AS pthr
  FROM kept k JOIN thr th ON k.day = th.day AND k.chunk = th.chunk
  GROUP BY k.v)
SELECT v AS key, lower_cnt,
  CAST(lower_cnt + (SELECT t FROM tot) - pthr AS BIGINT) AS upper_cnt
FROM per_key ORDER BY lower_cnt DESC, v LIMIT {topk}
"""


def mg_rollup_grouped_build(
    ev: DataFrame,
    path: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    ts_col: str = "ts",
    cap: int = 16,
) -> None:
    """GROUP dimension of the SpaceSaving store (per-tenant/per-type
    heavy hitters): one summary per (day, group) in a single build
    pass — exact (day, g, v) counts, a (day, g)-partitioned rank
    window, top-``cap`` kept with the group's largest dropped count as
    its threshold.  Row schema (day, g, v, c, thr); day-partitioned so
    range reads prune and the shared ``rollup_expire`` retention verb
    applies unchanged."""
    from pyspark.sql import Window

    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    counts = (
        ev.select(
            day,
            F.col(group_col).cast("string").alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("day", "g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("day", "g").orderBy(F.col("c").desc(), "v")
    ranked = counts.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    thr = ranked.groupBy("day", "g").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") > cap, F.col("c"))), F.lit(0)
        ).cast("long").alias("thr")
    )
    rows = (
        ranked.filter(F.col("rn") <= cap)
        .drop("rn")
        .join(F.broadcast(thr), ["day", "g"])
        .select("day", "g", "v", "c", "thr")
    )
    rows.write.mode("overwrite").partitionBy("day").parquet(path)


def mg_rollup_grouped_range_topk(
    spark,
    path: str,
    lo: str,
    hi: str,
    topk: int = 5,
    checkpoint: bool = True,
) -> DataFrame:
    """Per-group range heavy hitters from the summaries alone:
    ``(g, key, lower_cnt, upper_cnt)``, top-``topk`` per group by the
    exact lower bound with the (lower DESC, key) tie-break.  The
    per-group rank window runs over the per-key AGGREGATE of the store
    (≤ days·cap rows per group — bounded by the store's own size,
    never by traffic); the plan scans only partition-pruned summary
    files."""
    from pyspark.sql import Window

    rows = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .distinct()  # replay absorption (SET merge class)
    )
    if checkpoint:
        rows = rows.localCheckpoint(eager=True)
    thrs = rows.select("day", "g", "thr").distinct()
    tot = thrs.groupBy("g").agg(F.sum("thr").cast("long").alias("t"))
    per_key = rows.groupBy("g", "v").agg(
        F.sum("c").cast("long").alias("lower_cnt"),
        F.sum("thr").cast("long").alias("pthr"),
    )
    w = Window.partitionBy("g").orderBy(F.col("lower_cnt").desc(), "v")
    return (
        per_key.join(F.broadcast(tot), "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(
            "g",
            F.col("v").alias("key"),
            "lower_cnt",
            (F.col("lower_cnt") + F.col("t") - F.col("pthr"))
            .cast("long")
            .alias("upper_cnt"),
        )
    )


def mg_rollup_grouped_range_sql(
    src: str,
    group_col: str,
    value_col: str,
    lo: str,
    hi: str,
    dialect: str,
    cap: int = 16,
    topk: int = 5,
) -> str:
    """Oracle for the grouped SpaceSaving range read from RAW events —
    replicates the deterministic per-(day, group) summary construction
    and the per-group bound algebra."""
    day = "CAST(CAST(ts AS DATE) AS STRING)"
    return f"""
WITH ev AS (
  SELECT {day} AS day, CAST({group_col} AS STRING) AS g,
    CAST({value_col} AS BIGINT) AS v
  FROM {src}
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'),
counts AS (
  SELECT day, g, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY day, g, v),
ranked AS (
  SELECT day, g, v, c,
    ROW_NUMBER() OVER (PARTITION BY day, g ORDER BY c DESC, v) AS rn
  FROM counts),
kept AS (SELECT day, g, v, c FROM ranked WHERE rn <= {cap}),
thr AS (
  SELECT day, g,
    CAST(COALESCE(MAX(CASE WHEN rn > {cap} THEN c END), 0) AS BIGINT)
      AS thr
  FROM ranked GROUP BY day, g),
tot AS (SELECT g, CAST(SUM(thr) AS BIGINT) AS t FROM thr GROUP BY g),
per_key AS (
  SELECT k.g, k.v, CAST(SUM(k.c) AS BIGINT) AS lower_cnt,
    CAST(SUM(th.thr) AS BIGINT) AS pthr
  FROM kept k JOIN thr th ON k.day = th.day AND k.g = th.g
  GROUP BY k.g, k.v),
rk AS (
  SELECT p.g, p.v, p.lower_cnt,
    CAST(p.lower_cnt + tot.t - p.pthr AS BIGINT) AS upper_cnt,
    ROW_NUMBER() OVER (PARTITION BY p.g
      ORDER BY p.lower_cnt DESC, p.v) AS rn
  FROM per_key p JOIN tot ON tot.g = p.g)
SELECT g, v AS key, lower_cnt, upper_cnt
FROM rk WHERE rn <= {topk}
"""


# --------------------------------------------------------------------- #
# GROUPED + CHUNKED dimension (r10) — the streaming edge of the grouped
# store.  The batch-built grouped store above has ONE summary per
# (day, g); a foreachBatch writer slices a day's traffic across
# micro-batches, so its summaries need the chunk dimension the plain
# day store already has: rows (g, v, c, ube, thr) under (day, chunk)
# partitions, one summary per (day, chunk, g).  The bound algebra is
# the chunked one per group: lower = Σ kept counts; upper adds each
# (day, chunk, g) summary's threshold where the key was absent.
# Summaries stay deterministic functions of their slice, so replays
# append byte-identical rows the DISTINCT read absorbs (SET class).
# --------------------------------------------------------------------- #


def _mg_grouped_day_summaries(
    batch_df: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str,
    cap: int,
    chunk: int,
) -> DataFrame:
    """Per-(day, group) top-``cap`` summaries of ONE slice:
    ``(day, chunk, g, v, c, ube, thr)`` — exact counts, a (day, g)-
    partitioned rank window (bounded by the slice's distinct keys, not
    traffic), threshold = the group's largest dropped count."""
    from pyspark.sql import Window

    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    counts = (
        batch_df.select(
            day,
            F.col(group_col).cast("string").alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("day", "g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("day", "g").orderBy(F.col("c").desc(), "v")
    ranked = counts.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    thr = ranked.groupBy("day", "g").agg(
        F.coalesce(F.max(F.when(F.col("rn") > cap, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("thr")
    )
    return (
        ranked.filter(F.col("rn") <= cap)
        .drop("rn")
        .join(F.broadcast(thr), ["day", "g"])
        .select(
            "day",
            F.lit(int(chunk)).alias("chunk"),
            "g",
            "v",
            "c",
            F.lit(0).cast("long").alias("ube"),
            "thr",
        )
    )


def mg_rollup_grouped_append_batch(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    group_col: str = "event_type",
    value_col: str = "user_id",
    ts_col: str = "ts",
    cap: int = 16,
) -> None:
    """Streaming-side append into the grouped store: one micro-batch's
    per-(day, group) summaries land as ``chunk=<batch_id>`` partitions
    under every day the batch touched.  Deterministic rows + the read
    path's DISTINCT = the SET-class at-least-once contract.  Batch ids
    must be non-negative (negative = reserved for compaction) and
    unique per day across appenders, and above every day's
    compaction watermark.  Data-borne days: the day-retention cutoff
    is enforced executor-side (``_guard_expired_days``)."""
    _check_append_chunk(batch_id, store_path=path, scope="*")
    rows = _guard_expired_days(
        _mg_grouped_day_summaries(
            batch_df, group_col, value_col, ts_col, cap, chunk=batch_id
        ),
        path,
    )
    rows.write.mode("append").partitionBy("day", "chunk").parquet(path)


def mg_rollup_grouped_chunked_range_topk(
    spark,
    path: str,
    lo: str,
    hi: str,
    topk: int = 5,
    checkpoint: bool = True,
) -> DataFrame:
    """Per-group range heavy hitters from the CHUNKED grouped summaries
    alone: ``(g, key, lower_cnt, upper_cnt)``, top-``topk`` per group by
    exact lower bound with the (lower DESC, key) tie-break.  Bounds per
    key: lower = Σ kept counts over its summaries; upper adds every
    (day, chunk, g) summary threshold the key was absent from (t − Σ
    thresholds of containing summaries).  The per-group rank window
    runs over the per-key aggregate (≤ days·chunks·cap rows per group —
    bounded by store geometry, never traffic); the plan scans only
    partition-pruned summary files."""
    from pyspark.sql import Window

    rows = (
        read_parquet(spark, path)
        .filter(F.col("day").cast("string").between(lo, hi))
        .distinct()  # replay absorption (SET merge class)
    )
    if checkpoint:
        rows = rows.localCheckpoint(eager=True)
    thrs = rows.select(
        F.col("day").cast("string").alias("day"), "chunk", "g", "thr"
    ).distinct()
    tot = thrs.groupBy("g").agg(F.sum("thr").cast("long").alias("t"))
    per_key = (
        rows.select(
            F.col("day").cast("string").alias("day"),
            "chunk",
            "g",
            "v",
            "c",
            "ube",
        )
        .join(thrs, ["day", "chunk", "g"])
        .groupBy("g", "v")
        .agg(
            F.sum("c").cast("long").alias("lower_cnt"),
            F.sum("ube").cast("long").alias("ube"),
            F.sum("thr").cast("long").alias("pthr"),
        )
    )
    w = Window.partitionBy("g").orderBy(F.col("lower_cnt").desc(), "v")
    return (
        per_key.join(F.broadcast(tot), "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(
            "g",
            F.col("v").alias("key"),
            "lower_cnt",
            (F.col("lower_cnt") + F.col("ube") + F.col("t") - F.col("pthr"))
            .cast("long")
            .alias("upper_cnt"),
        )
    )


def mg_rollup_grouped_chunked_range_sql(
    src: str,
    group_col: str,
    value_col: str,
    lo: str,
    hi: str,
    dialect: str,
    cap: int = 16,
    topk: int = 5,
    chunk_sql: str = "0",
) -> str:
    """Oracle for the chunked grouped range read from RAW events —
    replicates the deterministic per-(day, chunk, group) summary
    construction and the per-group chunked bound algebra.
    ``chunk_sql`` models how the store was sliced (data-borne batch
    key), exactly like the plain store's ``mg_rollup_range_sql``."""
    day = "CAST(CAST(ts AS DATE) AS STRING)"
    return f"""
WITH ev AS (
  SELECT {day} AS day, {chunk_sql} AS chunk,
    CAST({group_col} AS STRING) AS g, CAST({value_col} AS BIGINT) AS v
  FROM {src}
  WHERE CAST(CAST(ts AS DATE) AS STRING) BETWEEN '{lo}' AND '{hi}'),
counts AS (
  SELECT day, chunk, g, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY day, chunk, g, v),
ranked AS (
  SELECT day, chunk, g, v, c,
    ROW_NUMBER() OVER (PARTITION BY day, chunk, g
      ORDER BY c DESC, v) AS rn
  FROM counts),
kept AS (SELECT day, chunk, g, v, c, CAST(0 AS BIGINT) AS ube
  FROM ranked WHERE rn <= {cap}),
thr AS (
  SELECT day, chunk, g,
    CAST(COALESCE(MAX(CASE WHEN rn > {cap} THEN c END), 0) AS BIGINT)
      AS thr
  FROM ranked GROUP BY day, chunk, g),
tot AS (SELECT g, CAST(SUM(thr) AS BIGINT) AS t FROM thr GROUP BY g),
per_key AS (
  SELECT k.g, k.v, CAST(SUM(k.c) AS BIGINT) AS lower_cnt,
    CAST(SUM(k.ube) AS BIGINT) AS ube,
    CAST(SUM(th.thr) AS BIGINT) AS pthr
  FROM kept k JOIN thr th
    ON k.day = th.day AND k.chunk = th.chunk AND k.g = th.g
  GROUP BY k.g, k.v),
rk AS (
  SELECT p.g, p.v, p.lower_cnt,
    CAST(p.lower_cnt + p.ube + tot.t - p.pthr AS BIGINT) AS upper_cnt,
    ROW_NUMBER() OVER (PARTITION BY p.g
      ORDER BY p.lower_cnt DESC, p.v) AS rn
  FROM per_key p JOIN tot ON tot.g = p.g)
SELECT g, v AS key, lower_cnt, upper_cnt
FROM rk WHERE rn <= {topk}
"""


def mg_rollup_grouped_compact(spark, path: str, day: str) -> int:
    """Compaction verb for the CHUNKED grouped store: merge one day's
    chunk summaries into a single per-group summary at the RESERVED
    ``chunk=-1`` WITHOUT re-pruning — per (g, v): ``c`` sums over the
    chunks containing the key, ``ube`` absorbs the thresholds of
    sibling chunks of the SAME group the key was absent from (plus any
    previously absorbed ube), and the merged ``thr`` is the group's
    chunk-threshold sum.  The grouped range algebra is bit-identical
    before and after (the merge law, pinned) — exactly the ungrouped
    :func:`mg_rollup_compact` per group."""

    def merge(raw, dest):
        rows = raw.distinct()
        thrs = rows.select("chunk", "g", "thr").distinct().localCheckpoint(
            eager=True
        )
        tot = thrs.groupBy("g").agg(F.sum("thr").cast("long").alias("t"))
        (
            rows.groupBy("g", "v")
            .agg(
                F.sum("c").cast("long").alias("c"),
                F.sum("ube").cast("long").alias("ube0"),
                F.sum("thr").cast("long").alias("pthr"),
            )
            .join(F.broadcast(tot), "g")
            .select(
                "g",
                "v",
                "c",
                (F.col("ube0") + F.col("t") - F.col("pthr")).cast("long").alias("ube"),
                F.col("t").alias("thr"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dest)
        )

    return compact_day(spark, path, day, merge, chunked=True)
