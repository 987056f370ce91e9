"""Persisted EXACT bitmap presence day store — the SEVENTH member of
the store matrix and its first EXACT family (HLL estimates distinct
counts; this store answers them exactly).

Row schema (day, chunk, word, bm): user ids packed 62 per BIGINT word
(62 keeps every mask strictly positive — no sign-bit edge cases), one
bitmap word per (day, chunk, word).  Packing uses pmod + the floor-div
consistent with it (r9 ADVICE), so negative ids land on well-defined
(word, bit) coordinates too — the bijection v = 62*word + bit holds
for every id above LONG_MIN + 61 (within 62 of LONG_MIN the exact
``vid - pmod`` subtraction would underflow BIGINT), not just the dense
non-negative case the store is sized for.  Store size per day is
chunks * ceil(max_id / 62) rows — the roaring-bitmap idea without the
compression tiers, sized for dense integer id spaces (the sparse-id
case is the HLL store's territory; the two are deliberate companions).

Merge law: BIT_OR — idempotent, commutative, associative.  That makes
this the IDEMPOTENT-MERGE replay class, the strongest contract in the
matrix: a replayed at-least-once append ORs in with ZERO effect
(BIT_OR(x, x) = x), so the read path needs no DISTINCT (SET class), no
per-(day, chunk) overwrite choreography (additive class), and no
summary determinism argument (SUMMARY-PRUNE class).  Chunk overlap is
equally harmless — the same user appearing in two chunks of a day ORs
to one bit.

Range reads never rescan events: partition-pruned store rows BIT_OR
per (day, word) (or per (g, word)), then popcount-sum — exact distinct
counts from bounded word-grain shuffles.  The oracle is therefore the
PLAIN ``COUNT(DISTINCT ...)`` over raw events: oracle simplicity is
the exactness proof.

Reference analogue: the reference gathers per-node partials
(big.data.table.R bdt.eval scatter/gather); the per-chunk bitmaps are
the partials and BIT_OR is the gather.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .store_layout import (
    _check_append_chunk,
    _guard_expired_days,
    _mark_compacted_chunks,
    _recover_stranded_days,
    compact_day,
    staged_swap,
    write_store_relation,
)
from ..sources.readers import read_parquet

_WORD_BITS = 62


def _word_expr(value_col: str):
    """Word index = the floor-div CONSISTENT WITH pmod, computed in
    exact integer arithmetic (vid - pmod is a multiple of 62, so
    truncating DIV equals floor division; no double round-trip — ids
    past 2^53 must not lose precision)."""
    vid = f"CAST({value_col} AS BIGINT)"
    return F.expr(
        f"({vid} - pmod({vid}, {_WORD_BITS})) DIV {_WORD_BITS}"
    ).alias("word")


def _bit_expr(value_col: str):
    """pmod keeps bit in [0, 62) for NEGATIVE ids too (Spark % follows
    the dividend's sign, which would make shiftleft undefined).
    (v -> (word, bit) stays a bijection: v = 62*word + bit.)"""
    vid = f"CAST({value_col} AS BIGINT)"
    return F.expr(f"CAST(pmod({vid}, {_WORD_BITS}) AS INT)").alias("bit")



def _packed_bitmaps(
    ev: DataFrame,
    value_col: str,
    ts_col: str,
    group_exprs: "dict[str, object]",
) -> DataFrame:
    """The ONE packing pipeline both stores share (review finding
    r9w12): distinct (day, *groups, word, bit), then BIT_OR of the
    single-bit masks — both stages map-side combinable on the same
    keys.  ``group_exprs`` maps output name -> Column expression
    (empty for the plain day store).  Returns
    (day, *groups, word, bm)."""
    day = F.date_format(F.to_date(F.col(ts_col)), "yyyy-MM-dd").alias("day")
    names = list(group_exprs)
    return (
        ev.select(
            day,
            *[expr.alias(name) for name, expr in group_exprs.items()],
            _word_expr(value_col),
            _bit_expr(value_col),
        )
        .distinct()
        .groupBy("day", *names, "word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("bm"))
    )


def bitmap_day_rows(
    ev: DataFrame,
    chunk: int,
    value_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(day, chunk, word, bm) bitmap rows for a (possibly multi-day)
    slice in ONE pass — the shared packing pipeline plus the chunk
    label."""
    return _packed_bitmaps(ev, value_col, ts_col, {}).select(
        "day", F.lit(int(chunk)).alias("chunk"), "word", "bm"
    )


def bitmap_rollup_build(
    ev: DataFrame,
    path: str,
    value_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Materialize the per-day bitmap table at ``path`` (partitioned by
    ISO day string, single chunk 0)."""
    rows = bitmap_day_rows(ev, 0, value_col, ts_col)
    rows.write.mode("overwrite").partitionBy("day", "chunk").parquet(path)


def bitmap_rollup_append_chunk(
    ev_chunk: DataFrame,
    path: str,
    chunk: int,
    value_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Incremental maintenance: bitmap ONE slice (caller filters) and
    append its rows under every day the slice touched.  At-least-once
    safe by the merge law alone: replayed rows BIT_OR to nothing new —
    no overwrite, no DISTINCT, no determinism argument needed.
    Chunk ids must be non-negative — negative ids are reserved for the
    compaction verb (the store-matrix-wide contract; for THIS store a
    collision would be absorbed by BIT_OR anyway, but the uniform rule
    keeps the verbs interchangeable across merge classes)."""
    _check_append_chunk(chunk)
    rows = _guard_expired_days(
        bitmap_day_rows(ev_chunk, chunk, value_col, ts_col), path
    )
    rows.write.mode("append").partitionBy("day", "chunk").parquet(path)


def bitmap_rollup_append_batch(
    batch_df: DataFrame,
    path: str,
    batch_id: int,
    value_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Streaming-side append (foreachBatch twin): the micro-batch's
    bitmaps land as ``chunk=<batch_id>`` partitions under every day the
    batch touched — same idempotent-merge replay contract."""
    bitmap_rollup_append_chunk(batch_df, path, batch_id, value_col, ts_col)


def bitmap_rollup_compact(
    spark, path: str, day: str, target_file_bytes: int = 256 << 20
) -> int:
    """Compaction verb: BIT_OR one day's chunk bitmaps into the
    RESERVED ``chunk=-1`` (<= ceil(max_id/62) rows per word;
    appenders reject negative ids, so no append collides with it).  The range-read algebra is
    bit-identical before and after — BIT_OR is associative, so merging
    chunks early changes nothing (the store's merge law, pinned).  The
    per-day relation is VOCABULARY cardinality
    (one row per distinct word), so the rewrite uses a size-derived
    file count hash-partitioned on word (``store_layout``) — 1 file at
    fixture scale, never one task for a TB vocabulary."""
    return compact_day(
        spark,
        path,
        day,
        lambda raw, dest: write_store_relation(
            raw.groupBy("word").agg(F.bit_or("bm").alias("bm")),
            dest,
            "word",
            sized_on=raw,
            target_file_bytes=target_file_bytes,
        ),
        chunked=True,
    )


def bitmap_rollup_range_daily(
    spark, path: str, lo: str, hi: str, checkpoint: bool = True
) -> DataFrame:
    """EXACT per-day distinct counts AND the exact range-wide distinct
    count from the store alone: ``(day, dau, range_distinct)`` for days
    in ``[lo, hi]``.  Partition-pruned store rows BIT_OR per (day, word)
    — absorbing chunk overlap and replays in the same aggregate — then
    popcount-sum per day; the range total BIT_ORs the per-day words once
    more before the popcount.  The plan scans only pruned bitmap files
    (never events); shuffles carry word-grain rows."""
    rows = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )
    per_day_word = rows.groupBy(
        F.col("day").cast("string").alias("day"), "word"
    ).agg(F.bit_or("bm").alias("bm"))
    if checkpoint:
        # feeds the day counts AND the range OR — one materialization
        per_day_word = per_day_word.localCheckpoint(eager=True)
    daily = per_day_word.groupBy("day").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("dau")
    )
    total = (
        per_day_word.groupBy("word")
        .agg(F.bit_or("bm").alias("bm"))
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("range_distinct"))
    )
    return daily.crossJoin(F.broadcast(total))


def bitmap_rollup_grouped_build(
    ev: DataFrame,
    path: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """GROUP dimension of the bitmap store (per-tenant/per-type exact
    audiences): rows (day, g, word, bm) from the SHARED packing
    pipeline, day-partitioned so range reads prune and the shared
    ``rollup_expire`` retention verb applies unchanged."""
    rows = _packed_bitmaps(
        ev, value_col, ts_col, {"g": F.col(group_col).cast("string")}
    )
    rows.write.mode("overwrite").partitionBy("day").parquet(path)


def bitmap_rollup_grouped_range(
    spark, path: str, lo: str, hi: str
) -> DataFrame:
    """EXACT per-group range distinct counts from the grouped store:
    ``(g, distinct_users)`` over ``[lo, hi]`` — one (g, word) BIT_OR
    over the pruned store rows, then the popcount sum."""
    rows = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )
    return (
        rows.groupBy("g", "word")
        .agg(F.bit_or("bm").alias("bm"))
        .groupBy("g")
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("distinct_users"))
    )


# --------------------------------------------------------------------- #
# tombstone deletion (r10) — the right-to-be-forgotten verb.  The
# presence store is EXACT, so deletion can be exact too: deleted ids
# become a (word, mask) tombstone bitmap ANDed out at read time.
# Tombstones live under the dot-prefixed ``.tombstones`` side dir —
# invisible to the main store's partition discovery (the same rule the
# compaction staging dirs rely on) — and merge by BIT_OR, so
# re-deleting any subset is absorbed (idempotent, like the store's own
# appends).  Deletion is GLOBAL across days (the compliance case); the
# store rows themselves are untouched, so a deletion needs no
# partition rewrites and applies retroactively to every range read
# that opts in.  A compaction that wanted to physically purge would
# AND the masks into the day bitmaps and drop the tombstones — the
# read algebra is identical before and after by associativity.
# --------------------------------------------------------------------- #

_TOMBSTONE_DIR = ".tombstones"


def bitmap_rollup_delete(ids, path: str, value_col: str = "user_id") -> None:
    """Tombstone every id in ``ids`` (a DataFrame with ``value_col``):
    pack to (word, mask) with the SAME pmod pipeline as the store and
    append under ``.tombstones``.  Idempotent by the BIT_OR merge law —
    replayed or overlapping delete batches OR to nothing new."""
    import os

    masks = (
        ids.select(_word_expr(value_col), _bit_expr(value_col))
        .distinct()
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask"))
    )
    masks.write.mode("append").parquet(os.path.join(path, _TOMBSTONE_DIR))


def bitmap_rollup_range_daily_scrubbed(
    spark, path: str, lo: str, hi: str, checkpoint: bool = True
) -> DataFrame:
    """:func:`bitmap_rollup_range_daily` with tombstones applied:
    per-day and range-wide EXACT distinct counts EXCLUDING every
    deleted id — ``(day, dau, range_distinct)``.  The tombstone table
    BIT_ORs to one mask per word (≤ ceil(max_id/62) rows — broadcast
    against the store scan), and the scrub is a bitwise
    ``bm & ~mask`` BEFORE the popcounts, so the exactness argument is
    unchanged: the scrubbed word bitmaps ARE the presence bitmaps of
    the surviving ids.  Plans scan only pruned store files + the tiny
    tombstone side table; never events."""
    import os

    rows = read_parquet(spark, path).filter(
        F.col("day").cast("string").between(lo, hi)
    )
    tomb = os.path.join(path, _TOMBSTONE_DIR)
    if os.path.isdir(tomb) and any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        masks = (
            read_parquet(spark, tomb)
            .groupBy("word")
            .agg(F.bit_or("mask").alias("mask"))
        )
    else:
        # post-purge (or never-deleted) store: empty mask table — the
        # scrub reduces to the plain read
        masks = spark.createDataFrame([], "word long, mask long")
    per_day_word = (
        rows.groupBy(F.col("day").cast("string").alias("day"), "word")
        .agg(F.bit_or("bm").alias("bm"))
        .join(F.broadcast(masks), "word", "left")
        .select(
            "day",
            "word",
            F.expr("bm & ~COALESCE(mask, CAST(0 AS BIGINT))").alias("bm"),
        )
    )
    if checkpoint:
        per_day_word = per_day_word.localCheckpoint(eager=True)
    daily = per_day_word.groupBy("day").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("dau")
    )
    total = (
        per_day_word.groupBy("word")
        .agg(F.bit_or("bm").alias("bm"))
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("range_distinct"))
    )
    return daily.crossJoin(F.broadcast(total))


def bitmap_rollup_purge(
    spark, path: str, target_file_bytes: int = 256 << 20
) -> int:
    """PHYSICAL purge: fold the tombstone masks into every day's
    bitmaps (``bm & ~mask``, merging chunks to the reserved
    ``chunk=-1`` in the same pass — purge subsumes compaction) and
    DROP the tombstone table.  Result-neutral by associativity: the
    scrubbed read before the purge, the scrubbed read after (empty
    mask table), and the PLAIN read after are all bit-identical
    (pinned).  This is the compliance end-state — the deleted ids'
    bits no longer exist on disk, not merely masked at read time.
    Like compaction it records each day's compaction watermark first,
    so ``chunk_expire`` refuses the merged chunks instead of silently
    keeping their bits.  Per-day rewrites use the size-derived
    vocabulary-cardinality layout (``store_layout``).  Returns the day
    count rewritten."""
    import os
    import shutil

    tomb = os.path.join(path, _TOMBSTONE_DIR)
    masks = (
        read_parquet(spark, tomb)
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
        .localCheckpoint(eager=True)
    )
    _recover_stranded_days(path)
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(path)
        if d.startswith("day=")
    )
    for day in days:
        part_dir = os.path.join(path, f"day={day}")
        with staged_swap(part_dir) as (tmp,):
            _mark_compacted_chunks(path, part_dir, scope=day)  # appender guard
            raw = read_parquet(spark, part_dir)
            scrubbed = (
                raw.groupBy("word")
                .agg(F.bit_or("bm").alias("bm"))
                .join(F.broadcast(masks), "word", "left")
                .select(
                    "word",
                    F.expr("bm & ~COALESCE(mask, CAST(0 AS BIGINT))").alias("bm"),
                )
                .filter(F.col("bm") != 0)  # fully-deleted words vanish
            )
            write_store_relation(
                scrubbed,
                os.path.join(tmp, "chunk=-1"),
                "word",
                sized_on=raw,
                target_file_bytes=target_file_bytes,
            )
    shutil.rmtree(tomb, ignore_errors=True)
    return len(days)
