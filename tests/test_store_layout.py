"""Store rewrite crash-consistency pins (``functions/store_layout.py``).

1. Stranded-day recovery: a crash between a swap's two renames leaves
   ``day=<d>`` absent and its data in ``.day=<d>.compact.old``.  The
   writer verbs rename it back; the data never silently drops out of a
   range read, and a later append never recreates the day without it.
   A day ``rollup_expire`` dropped never comes back from its aside.
2. Bloom compaction carries its geometry meta through the swap, so a
   crash right after the swap leaves a store that still probes.
3. The setjoin append writes the candidate-generating ``prefix/``
   relation only after the verify-side relations succeeded.
4. Bitmap compaction and purge record the compaction watermark like
   every other chunked store, so chunk retention cannot silently miss
   the merged chunks.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from big_data_table_spark.functions import dedup as DD
from big_data_table_spark.functions import sketches as SK
from big_data_table_spark.sources.readers import load_events


@pytest.mark.parametrize("append_first", [False, True], ids=["compact", "append"])
def test_stranded_day_recovered_by_writer_verbs(spark, sf_dir, tmp_path, append_first):
    """Plant the crash state on a built HLL store (``day=<d>`` renamed to
    its aside).  ``hll_rollup_compact_all`` brings the day back and the
    full-range estimate equals its value before the crash — also when
    an append of a strict subset of the day's events runs first (the
    append must land next to the day's data, not recreate it alone)."""
    ev = load_events(spark, sf_dir)
    path = str(tmp_path / "hll")
    SK.hll_rollup_build(ev, path)
    days = sorted(d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("day="))
    lo, hi, d = days[0], days[-1], days[len(days) // 2]

    def est():
        return tuple(SK.hll_rollup_range_estimate(spark, path, lo, hi).first())

    before = est()
    live = os.path.join(path, f"day={d}")
    aside = os.path.join(path, f".day={d}.compact.old")
    os.rename(live, aside)
    if append_first:
        day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
        subset = ev.filter((day == d) & (F.col("user_id") % 2 == 0))
        SK.hll_rollup_append_day(subset, path, d)
    SK.hll_rollup_compact_all(spark, path)
    assert os.path.isdir(live)
    assert not os.path.exists(aside)
    assert est() == before


@pytest.mark.parametrize("live", [False, True], ids=["stranded", "live_and_aside"])
def test_expired_day_aside_never_comes_back(spark, sf_dir, tmp_path, live):
    """A crash inside a swap of the oldest day leaves its aside, with the
    live dir absent (between the renames) or present (after them).
    ``rollup_expire`` past that day deletes the aside too, and an aside
    of an expired day that appears anyway is never renamed back by
    ``hll_rollup_compact_all`` or a refused append: the day stays absent
    and the range estimate stays the post-expire one."""
    ev = load_events(spark, sf_dir)
    path = str(tmp_path / "hll")
    SK.hll_rollup_build(ev, path)
    days = sorted(d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("day="))
    d, cut, hi = days[0], days[1], days[-1]
    day_dir = os.path.join(path, f"day={d}")
    aside = os.path.join(path, f".day={d}.compact.old")
    if live:
        shutil.copytree(day_dir, aside)
    else:
        os.rename(day_dir, aside)
    assert SK.rollup_expire(path, cut) == [d]
    assert not os.path.exists(aside)

    def est():
        return tuple(SK.hll_rollup_range_estimate(spark, path, d, hi).first())

    after_expire = est()
    shutil.copytree(os.path.join(path, f"day={cut}"), aside)
    SK.hll_rollup_compact_all(spark, path)
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    with pytest.raises(ValueError, match="day-retention"):
        SK.hll_rollup_append_day(ev.filter(day == d), path, d)
    assert not os.path.exists(day_dir)
    assert est() == after_expire


def test_bloom_compact_crash_after_swap_keeps_store_probeable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Let the compaction's swap complete, then interrupt the verb: the
    swapped-in store must carry its ``m``/``k`` meta, so appends and
    probes keep working and answer exactly as before."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    did = F.col("doc_id")
    path = str(tmp_path / "bloom")
    SK.bloom_index_build(docs.filter(did % 3 == 0), path, "doc_id", m=1024, k=3)
    SK.bloom_index_append(docs.filter(did % 3 == 1), path, "doc_id")

    def answers():
        return sorted(
            tuple(r) for r in SK.bloom_index_probe(spark, path, docs, "doc_id").collect()
        )

    before = answers()
    real_rename = os.rename

    def rename_then_crash(src, dst):
        real_rename(src, dst)
        if dst.rstrip("/") == path and "compact.tmp" in str(src):
            raise OSError("simulated crash right after the swap")

    monkeypatch.setattr(os, "rename", rename_then_crash)
    with pytest.raises(OSError, match="simulated crash"):
        SK.bloom_index_compact(spark, path)
    monkeypatch.undo()
    assert answers() == before
    SK.bloom_index_append(docs.filter(did % 3 == 2), path, "doc_id")


def test_setjoin_append_writes_prefix_after_verify_relations(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing ``sets/`` write must leave ``prefix/`` untouched: prefix
    rows without their verify-side rows would generate candidates the
    exact verify drops silently."""
    from big_data_table_spark.catalog_base import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _sl_corpus AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _sl_batch AS "
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    )
    path = str(tmp_path / "setjoin")
    DD.setjoin_index_build(spark, path, "_sl_corpus")
    assert os.path.isdir(os.path.join(path, "sets"))

    def prefix_files():
        return sorted(os.listdir(os.path.join(path, "prefix")))

    before = prefix_files()

    def failing_sets(sh):
        raise RuntimeError("simulated sets/ write failure")

    monkeypatch.setattr(DD, "_setjoin_doc_sets", failing_sets)
    with pytest.raises(RuntimeError, match="simulated sets/ write failure"):
        DD.setjoin_index_append(spark, path, "_sl_batch")
    assert prefix_files() == before


@pytest.mark.parametrize("verb", ["compact", "purge"])
def test_bitmap_merge_records_watermark(spark, tmp_path, verb):
    """After a bitmap day's chunks are merged into ``chunk=-1``,
    ``chunk_expire`` must refuse (the merged chunks cannot be dropped at
    chunk granularity) instead of reporting nothing dropped while the
    expired chunk's ids still count."""
    from big_data_table_spark.functions import bitmap_store as B
    from big_data_table_spark.functions import mg_store as MG

    ev = spark.createDataFrame(
        [(i, "2024-01-05 10:00:00") for i in range(100)], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    path = str(tmp_path / "bm")
    B.bitmap_rollup_build(ev.filter("user_id < 50"), path)
    B.bitmap_rollup_append_chunk(ev.filter("user_id >= 50"), path, 1)
    if verb == "compact":
        B.bitmap_rollup_compact(spark, path, "2024-01-05")
    else:
        B.bitmap_rollup_delete(spark.createDataFrame([(999,)], "user_id long"), path)
        B.bitmap_rollup_purge(spark, path)
    with pytest.raises(ValueError, match="compaction watermark"):
        MG.chunk_expire(path, before_chunk=1)
